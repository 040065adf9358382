"""``live_fetch``: open-loop live Fetch through ``streaming_ham_merge``.

One long-lived query reads a directory of update files (one file per
micro-batch), runs ``streaming_ham_merge`` — what ``GunGraph.subscribe``
runs after its key filter — and hands each batch to a ``foreachBatch``
sink.  A generator thread publishes one file every ``PERIOD_S`` seconds
on a fixed schedule, whatever the query's progress, so a stall shows as
queued latency.  Latency runs from a file's due time to the moment the
sink has its rows.

Every batch's rows must equal the winner transitions a driver-side HAM
fold derives from the same file.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pyarrow.parquet as pq

from gunbench.datagen import GunModel, QUAD_COLS, tables, value_json

SF = 0.005
TINY_SF = 0.001
PERIOD_S = 1.5  # one file per period; the parent's micro-batch takes about 0.5 s
FILE_ROWS = 64
WARM_FILES = 2
TRIGGER = "100 milliseconds"
OUT_COLS = QUAD_COLS  # streaming_ham_merge OUTPUT_SCHEMA column order


class Sink:
    def __init__(self):
        self.batches: dict[int, tuple[float, list[tuple]]] = {}
        self.cond = threading.Condition()

    def __call__(self, df, batch_id: int) -> None:
        rows = [tuple(r) for r in df.select(*OUT_COLS).collect()]
        t = time.time()
        with self.cond:
            self.batches[batch_id] = (t, rows)
            self.cond.notify_all()

    def wait(self, n: int, timeout: float, query) -> bool:
        """Wait until ``n`` batches have reached the sink; give up at the
        timeout or once the query has stopped (it failed)."""
        deadline = time.time() + timeout
        with self.cond:
            while len(self.batches) < n:
                left = deadline - time.time()
                if left <= 0 or not query.isActive:
                    return False
                self.cond.wait(min(left, 0.5))
        return True


class LiveFetch:
    def setup(self, bench):
        from esgopeta_spark.streaming.ham_stream import streaming_ham_merge
        from esgopeta_spark.types import QUAD_SCHEMA

        model = GunModel(tables(TINY_SF if bench.tiny else SF, bench.seed), bench.seed)
        base = bench.path(f"live-{time.monotonic_ns()}")
        src = os.path.join(base, "src")
        os.makedirs(src)
        stream = (
            bench.spark.readStream.schema(QUAD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sink = Sink()
        query = (
            streaming_ham_merge(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(base, "checkpoint"))
            .trigger(processingTime=TRIGGER)
            .start()
        )
        return {"model": model, "base": base, "src": src, "sink": sink, "query": query,
                "files": [], "live": {}}

    def teardown(self, bench, fx) -> None:
        try:
            fx["query"].stop()
        finally:
            shutil.rmtree(fx["base"], ignore_errors=True)

    def publish(self, fx, rows: list[dict]) -> None:
        from gunbench.oracle import quads_table

        i = len(fx["files"])
        tmp = os.path.join(fx["src"], f".tmp-{i}.parquet")
        pq.write_table(quads_table(rows), tmp)
        os.rename(tmp, os.path.join(fx["src"], f"part-{i:05d}.parquet"))
        fx["files"].append(rows)

    def expected(self, fx, rows: list[dict]) -> set[tuple]:
        """Winner transitions of one file (one micro-batch): a key emits its
        new winner iff some applicable row beats the held one.  Rows dated
        past the wall clock are deferred and never emit."""
        live = fx["live"]
        now = time.time() * 1000.0
        out = set()
        for key in {(r["soul"], r["field"]) for r in rows}:
            held = live.get(key)
            best = held
            for r in rows:
                if (r["soul"], r["field"]) != key or r["state"] > now:
                    continue
                if best is None or (r["state"], value_json(r)) > (best["state"], value_json(best)):
                    best = r
            if best is not held:
                live[key] = best
                out.add(tuple(best[c] for c in OUT_COLS))
        return out

    def run(self, bench, fx, seconds: float) -> dict:
        from gunbench.oracle import canon
        from gunbench.run import median, p75

        model, sink = fx["model"], fx["sink"]
        query = fx["query"]
        for _ in range(WARM_FILES):  # warm-up: Python workers, state store
            self.publish(fx, model.live_file(len(fx["files"]), FILE_ROWS))
            sink.wait(len(fx["files"]), 120, query)
        n_warm = len(fx["files"])
        bench.log("warm-up files done")
        n = 2 if bench.tiny else max(2, int(seconds / PERIOD_S))
        files = [model.live_file(n_warm + i, FILE_ROWS) for i in range(n)]
        t0 = time.time() + 0.2
        due = [t0 + i * PERIOD_S for i in range(n)]
        late: list[float] = []
        backlog: list[int] = []

        def generate():
            for i, rows in enumerate(files):
                delay = due[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.publish(fx, rows)
                late.append(time.time() - due[i])
                backlog.append(n_warm + i - len(sink.batches))

        if bench.meter is not None:
            bench.meter.mark()
        bench.ext.start()
        gen = threading.Thread(target=generate, daemon=True)
        gen.start()
        gen.join()
        sink.wait(n_warm + n, 60 + 4 * PERIOD_S * n, query)
        bench.ext.stop()
        if query.exception() is not None:
            last = str(query.exception()).strip().splitlines()[-1]
            bench.check(False, f"live query failed: {last}"[:300])
        if bench.meter is not None:
            self.engine_window = bench.meter.end(None)
        # map data batches to files: one file per batch, in publish order
        progress = self._progress(query, n_warm + n)
        data = sorted(p["batchId"] for p in progress.values() if p["numInputRows"] > 0)
        lat, trig = [], []
        self.batch_progress = []
        expected_total = emitted_total = 0
        for i, rows in enumerate(fx["files"]):
            bench.attempted += 1
            want = self.expected(fx, rows)
            if bench.args.corrupt and i == 0:
                want = want | {("corrupt",) * len(OUT_COLS)}
            if i >= len(data) or data[i] not in sink.batches:
                bench.check(False, f"live file {i}: no sink batch")
                continue
            t_recv, got = sink.batches[data[i]]
            p = progress[data[i]]
            ok = p["numInputRows"] == len(rows) and {
                tuple(canon(v) for v in r) for r in got
            } == {tuple(canon(v) for v in r) for r in want} and len(got) == len(want)
            bench.check(ok, f"live file {i}: {len(got)} sink rows, {len(want)} expected")
            expected_total += len(rows)
            emitted_total += len(got)
            if i >= n_warm:
                lat.append(t_recv - due[i - n_warm])
                trig.append(p["durationMs"].get("triggerExecution", 0.0))
                self.batch_progress.append(p)
        self.late, self.backlog = late, backlog
        self.emitted_per_input_row = emitted_total / max(expected_total, 1)
        self.n_files = n
        bench.detail.update(files=n, latencies_ms=[round(1e3 * x) for x in lat])
        return {
            "op_ms": 1e3 * median(lat),
            "op_p75_ms": 1e3 * p75(lat),
            "op2_ms": median(trig),
        }

    @staticmethod
    def _progress(query, n_batches: int) -> dict[int, dict]:
        """recentProgress by batch id, waiting briefly for the last batch's
        progress event (posted after its sink call returns)."""
        import json

        deadline = time.time() + 10
        while True:
            out = {}
            for p in query.recentProgress:
                d = json.loads(p.json) if hasattr(p, "json") else dict(p)
                out[d["batchId"]] = d
            if sum(1 for d in out.values() if d["numInputRows"] > 0) >= n_batches or time.time() > deadline:
                return out
            time.sleep(0.1)

    def layers(self, bench, ops: list[dict]) -> dict:
        from gunbench.run import median

        bp = self.batch_progress
        dur = lambda k: median([p["durationMs"].get(k, 0.0) for p in bp])  # noqa: E731
        st = lambda k: median([(p.get("stateOperators") or [{}])[0].get(k, 0.0) for p in bp])  # noqa: E731
        hs = "streaming.ham_stream."
        return {
            hs + "trigger_ms": dur("triggerExecution"),
            hs + "add_batch_ms": dur("addBatch"),
            hs + "wal_commit_ms": dur("walCommit"),
            hs + "state_commit_ms": st("commitTimeMs"),
            hs + "state_rows": st("numRowsTotal"),
            hs + "state_memory_bytes": st("memoryUsedBytes"),
            hs + "backlog_files": median(self.backlog),
            hs + "emitted_per_input_row": self.emitted_per_input_row,
            "bench.generator_late_ms": 1e3 * median(self.late),
        }


LIVE_FETCH = LiveFetch()
