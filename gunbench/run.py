#!/usr/bin/env python3
"""GUN-engine benchmark: one workload per invocation.

    python3 gunbench/run.py --workload gun_store --seed 1 --seconds 10 --trace 0

Workloads (see README.md): ``gun_store`` (Put + FetchOne on the persistent
store), ``catalog`` (graph, Python-worker kernel and relational catalog
entries), and ``live_fetch`` (open-loop live Fetch through
streaming_ham_merge; held out of BENCHMARK.json while a package defect
fails it).  Inputs derive from ``--seed``.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the per-layer metrics of a traced run.  Every run
checks its outputs and counts mismatches as failed ops.

The run lives in ``.gunbench_run/<workload>-<pid>`` under the repo root
(Spark local dirs, store, checkpoints, warehouse), removed at exit.
Traced runs leave their spans in ``.gunbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gun_store", "live_fetch", "catalog")
SETUPS = 3  # set-ups per run; setup_s is their median
RETIME_SHARE = 0.2  # of --seconds: wall time a run may spend on re-timing


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p75(xs):
    """Third quartile: about the highest percentile with ten of a run's
    48 fetches beyond it."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """Shared run state: arguments, session, tracer and meters."""

    def __init__(self, args, run_dir: str, t_process0: float):
        from gunbench.host import ExtMeter

        self.args = args
        self.seed = args.seed
        self.tiny = args.tiny
        self.run_dir = run_dir
        self.t_process0 = t_process0
        self.spark = None
        self.tracer = None
        self.meter = None
        self.ext = ExtMeter()
        self.attempted = 0
        self.failed = 0
        self.retimed = 0
        # re-timing stops once the dirty attempts it threw away reach this
        # much wall time: under load that lasts the whole run it would only
        # double the run
        self.retime_budget_s = RETIME_SHARE * args.seconds
        self.mismatches: list[str] = []
        self.attempts: list[tuple] = []  # (op, wall ms, external core-s) of every timed attempt
        self.detail: dict = {}  # per-op samples for the host record
        self.get_spark_s = 0.0

    # -- session --------------------------------------------------------------

    def start_session(self) -> None:
        from esgopeta_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("gunbench")
        if not self.get_spark_s:
            self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def restart_session(self) -> None:
        self.spark.stop()
        self.start_session()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- ops ------------------------------------------------------------------

    def timed(self, kind: str, rnd: int, fn, retime: bool = True):
        """Run one op; return (result, wall seconds, clean).  An op that ran
        beside more than EXT_CORES_MAX external cores is dirty; with
        ``retime`` (ops that change no state) it runs once more, within the
        run's re-time budget, and the second attempt counts, clean or
        not.  The external-CPU meter brackets each attempt outside the
        timed region."""
        retime = retime and rnd >= 0  # warm-up ops are not measured
        for attempt in range(2 if retime else 1):
            self.ext.start()
            res, wall, rec = self._attempt(kind, rnd, fn)
            ext = self.ext.stop()
            clean = not self.ext.dirty(ext, wall)
            self.attempts.append((kind, round(1e3 * wall, 1), round(ext, 2)))
            if clean or not retime or attempt or wall > self.retime_budget_s:
                break
            self.retime_budget_s -= wall
            self.retimed += 1
            if rec is not None:
                rec["discarded"] = True
        return res, wall, clean

    def _attempt(self, kind: str, rnd: int, fn):
        """One timed attempt.  Traced runs wrap it in a root span and a job
        group; its wall is taken outside the span, so that the spans' self
        times can be reconciled against a clock of their own."""
        if self.tracer is None:
            t0 = time.perf_counter()
            res = fn()
            return res, time.perf_counter() - t0, None
        group = f"gunbench-op-{len(self.tracer.ops)}"
        self.meter.begin(group)
        t0 = time.perf_counter()
        with self.tracer.op(kind, rnd) as rec:
            res = fn()
        wall = time.perf_counter() - t0
        rec["wall_ms"] = 1e3 * wall
        rec["spark"] = self.meter.end(group)
        return res, wall, rec

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since process start."""
        print(f"[gunbench {time.time() - self.t_process0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            if len(self.mismatches) < 20:
                self.mismatches.append(what)


def _setup_env(run_dir: str) -> None:
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the package by name: put the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    os.chdir(run_dir)  # spark-warehouse and derby land in the run dir


def _stop_jvm(bench) -> None:
    if bench is not None and bench.spark is not None:
        try:
            bench.spark.stop()
        except Exception:
            pass
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _metric_block(spec: list[dict], values: dict[str, float]) -> dict:
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test scale: sf0.001, 1-2 rounds")
    ap.add_argument("--corrupt", action="store_true", help="self-test: perturb one expected output")
    args = ap.parse_args(argv)
    t_process0 = time.time() - _process_age_s()

    if not os.path.isfile(os.path.join(ROOT, "esgopeta_spark", "__init__.py")):
        print("gunbench: the esgopeta_spark package is not next to the benchmark", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run_dir = os.path.join(ROOT, ".gunbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    cwd = os.getcwd()
    _setup_env(run_dir)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        from gunbench import host, workloads

        load0 = host.loadavg_1m()
        bench = Bench(args, run_dir, t_process0)
        wl = workloads.get(args.workload)
        if args.trace:
            from gunbench.trace import SparkMeter, Tracer

            bench.tracer = Tracer()
        samples = []
        for i in range(SETUPS):
            t0 = t_process0 if i == 0 else time.time()
            if i == 0:
                bench.start_session()
            else:
                wl.teardown(bench, fixture)
                bench.restart_session()
            fixture = wl.setup(bench)
            samples.append(time.time() - t0)
            bench.log(f"set-up {i + 1}/{SETUPS}: {samples[-1]:.2f} s")
        if args.trace:
            bench.meter = SparkMeter(bench.spark)
            workloads.instrument(bench.tracer)
        values = wl.run(bench, fixture, args.seconds)
        bench.log(f"run done: {bench.attempted} ops, {bench.failed} failed")
        wl.teardown(bench, fixture)
        values["setup_s"] = median(samples)
        load1 = host.loadavg_1m()
        record = {
            "host": {
                "loadavg_1m_start": load0,
                "loadavg_1m_end": load1,
                "ext_core_s": round(bench.ext.ext_core_s, 3),
                "dirty_ops": bench.ext.dirty_ops,
                "retimed_ops": bench.retimed,
                "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                "setup_samples_s": [round(s, 3) for s in samples],
            },
            "detail": bench.detail,
            "attempts": bench.attempts,
            "mismatches": bench.mismatches,
        }
        if args.trace:
            bench.tracer.unwrap_all()
            layer = workloads.layer_metrics(bench, wl)
            layer.update({
                "session.get_spark_s": bench.get_spark_s,
                "host.ext_core_s": bench.ext.ext_core_s,
                "host.loadavg_1m": load1,
            })
            out_dir = os.path.join(ROOT, ".gunbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}.json"))
            metrics = _metric_block(spec["per_layer"], layer)
        else:
            metrics = _metric_block(spec["end_to_end"], values)
        result = {
            "correct": bench.failed == 0 and bench.attempted > 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }
    finally:
        _stop_jvm(bench)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
