"""``gun_store``: closed-loop Put and FetchOne against the persistent store.

Set-up writes the seeded GUN graph (orders, customers, nations) with
``write_quads``.  Each round is one put — ``ham_upsert_batch`` over
``PUT_SOULS`` souls with a pinned ``as_of`` — then ``FETCHES`` point
fetches, each
``GunGraph(spark, read_quads(spark, store, soul=s)).fetch_one(s, f)``.

No GUN source gives a put size or a read:write mix.  The put size is the
smallest of those the store was first measured at (16, 64 and 256 souls
per put on a 600k-quad store).  The mix is YCSB
workload A's 50% reads / 50% updates counted per record: one fetch per
soul a put writes.  Keys are Zipf-skewed, as YCSB's request distribution
is; the shares of the put's row kinds and of the fetch key kinds are this
benchmark's own choice (see datagen.GunModel).

Host noise: a fetch that ran beside more than ``EXT_CORES_MAX`` external
cores is re-timed once, within the run's re-time budget (fetches change
nothing); a dirty put cannot be re-run, so it is left out of the put
median when the run holds a clean put.

Every fetch is checked against the driver-side HAM fold
(:class:`gunbench.datagen.GunModel`); at run end the whole store plus its
pending set must equal a DuckDB fold of the seed plus every eligible put.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from gunbench.datagen import GunModel, tables

SF = 0.005
TINY_SF = 0.001
PUT_SOULS = 16
FETCHES = PUT_SOULS  # YCSB A, per record: one read per soul written
WARM_FETCHES = FETCHES
# A round (a put and its fetches) takes about ROUND_S on a quiet 4-core
# host.  A run makes --seconds / ROUND_S rounds whatever the host's load:
# the JVM is still warming up over the run (a run's third round reads
# 15-20% faster than its first), so a run cut short by load would leave
# out its fastest rounds.
ROUND_S = 5.0


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class GunStore:
    def setup(self, bench):
        from esgopeta_spark.sources.io import write_quads
        from gunbench.oracle import quads_table

        model = GunModel(tables(TINY_SF if bench.tiny else SF, bench.seed), bench.seed)
        store = bench.path(f"store-{time.monotonic_ns()}")
        write_quads(bench.spark.createDataFrame(quads_table(model.rows)), store)
        return {"model": model, "store": store}

    def teardown(self, bench, fx) -> None:
        shutil.rmtree(fx["store"], ignore_errors=True)

    # -- ops ------------------------------------------------------------------

    def put(self, bench, fx, rnd: int) -> tuple[float, bool]:
        from esgopeta_spark.sources.io import load_manifest
        from esgopeta_spark.streaming.upsert import ham_upsert_batch
        from gunbench.oracle import quads_table

        model, store = fx["model"], fx["store"]
        rows, clock = model.make_put(PUT_SOULS)
        batch = bench.spark.createDataFrame(quads_table(rows))
        before = load_manifest(store)
        bench.attempted += 1
        _, wall, clean = bench.timed(
            "put", rnd, lambda: ham_upsert_batch(bench.spark, batch, store, as_of_ms=clock),
            retime=False,
        )
        _, deferred = model.apply_put(rows, clock)
        after = load_manifest(store)
        commit = os.path.join(store, "commits", f"c{after['seq']:06d}")
        files, size = _dir_bytes(commit)
        user = sum(len(r["soul"]) + len(r["field"]) + 8 for r in rows)
        self.put_stats.append({
            "buckets": sum(after["buckets"].get(b) != p for b, p in before["buckets"].items())
            + len(set(after["buckets"]) - set(before["buckets"])),
            "files": files,
            "bytes_per_user_byte": size / max(user, 1),
            "deferred": deferred,
        })
        return wall, clean

    def fetch(self, bench, fx, key, rnd: int, corrupt: bool = False) -> float:
        from esgopeta_spark.graph import GunGraph
        from esgopeta_spark.sources.io import read_quads

        soul, field = key
        spark, store = bench.spark, fx["store"]
        bench.attempted += 1
        res, wall, _ = bench.timed(
            "fetch", rnd,
            lambda: GunGraph(spark, read_quads(spark, store, soul=soul)).fetch_one(soul, field),
        )
        want = fx["model"].expected(key)
        if corrupt:
            want = (not want[0], want[1], want[2])
        got = (res.value_exists, res.value, res.state)
        bench.check(got == want, f"fetch {key}: got {got!r} want {want!r}"[:300])
        return wall

    # -- run ------------------------------------------------------------------

    def run(self, bench, fx, seconds: float) -> dict:
        from gunbench.run import median, p75

        model = fx["model"]
        self.put_stats: list[dict] = []
        # warm-up round, checked but not timed into the figures
        self.put(bench, fx, -1)
        for i, key in enumerate(model.fetch_keys(WARM_FETCHES)):
            self.fetch(bench, fx, key, -1, corrupt=bench.args.corrupt and i == 0)
        self.put_stats.clear()
        bench.log("warm-up round done")
        puts, fetches = [], []
        rounds = 2 if bench.tiny else max(1, round(seconds / ROUND_S))
        for rnd in range(rounds):
            puts.append(self.put(bench, fx, rnd))
            for key in model.fetch_keys(FETCHES):
                fetches.append(self.fetch(bench, fx, key, rnd))
        bench.log(f"{rounds} timed rounds done")
        self.final_check(bench, fx)
        files, size = _dir_bytes(fx["store"])
        self.space_amp = size / model.user_bytes()
        kept = [w for w, clean in puts if clean] or [w for w, _ in puts]
        bench.detail.update(
            fetch_ms=[round(1e3 * w, 1) for w in fetches],
            put_ms=[round(1e3 * w, 1) for w, _ in puts],
            dirty_puts=sum(not clean for _, clean in puts),
        )
        return {
            "op_ms": 1e3 * median(fetches),
            "op_p75_ms": 1e3 * p75(fetches),
            "op2_ms": 1e3 * median(kept),
        }

    def final_check(self, bench, fx) -> None:
        """Store + pending set vs the DuckDB fold of seed + eligible puts."""
        from esgopeta_spark.sources.io import read_quads
        from esgopeta_spark.streaming.upsert import read_pending
        from gunbench.datagen import QUAD_COLS
        from gunbench.oracle import canon, ham_fold_rows

        model, spark, store = fx["model"], bench.spark, fx["store"]
        key = lambda row: tuple(canon(row[c]) for c in range(len(QUAD_COLS)))  # noqa: E731
        live = Counter(key(tuple(r)) for r in read_quads(spark, store).collect())
        want = Counter(key(r) for r in ham_fold_rows(model.rows + model.eligible))
        pend = Counter(key(tuple(r)) for r in read_pending(spark, store).collect())
        want_pend = Counter(key(tuple(r[c] for c in QUAD_COLS)) for r in model.pending)
        bench.attempted += 1
        bench.check(live == want, f"store: {sum((live - want).values())} extra, {sum((want - live).values())} missing rows")
        bench.check(pend == want_pend, f"pending: {sum((pend - want_pend).values())} extra, {sum((want_pend - pend).values())} missing rows")

    def layers(self, bench, ops: list[dict]) -> dict:
        from gunbench.run import median

        puts = [o for o in ops if o["kind"] == "put"]
        fetches = [o for o in ops if o["kind"] == "fetch"]
        io = "sources.io."
        med = lambda xs, name, part="incl_ms": median([o[part].get(name, 0.0) for o in xs])  # noqa: E731
        stats = self.put_stats
        return {
            io + "load_manifest_ms": med(puts, io + "load_manifest"),
            io + "publish_manifest_ms": med(puts, io + "publish_manifest"),
            io + "gc_unreferenced_commits_ms": med(puts, io + "gc_unreferenced_commits"),
            io + "buckets_touched_per_put": median([s["buckets"] for s in stats]),
            io + "files_written_per_put": median([s["files"] for s in stats]),
            io + "bytes_written_per_user_byte": median([s["bytes_per_user_byte"] for s in stats]),
            io + "space_amp": self.space_amp,
            io + "read_quads_ms": med(fetches, io + "read_quads"),
            "graph.fetch_one_ms": med(fetches, "graph.fetch_one"),
            "spark.jobs_per_fetch": median([o["spark"]["jobs"] for o in fetches]),
            "streaming.upsert.ham_upsert_batch_self_ms": med(puts, "streaming.upsert.ham_upsert_batch", "self_ms"),
            "streaming.upsert.deferred_rows": median([s["deferred"] for s in stats]),
            "ham.ham_merge_calls_per_put": med(puts, "ham.ham_merge", "calls"),
            "spark.jobs_per_put": median([o["spark"]["jobs"] for o in puts]),
            "spark.tasks_per_put": median([o["spark"]["tasks"] for o in puts]),
        }


GUN_STORE = GunStore()
