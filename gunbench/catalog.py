"""``catalog``: a closed loop over graph, kernel and relational entries.

An untimed first round collects every entry and compares it with its
DuckDB oracle; it is also the warm-up (codegen, JIT, Python workers).
Then timed rounds run ``REGISTRY[e].fn(spark, sf)`` through the noop
sink for every entry, each group in an order rotated by the seed, until
``--seconds`` have passed and at least ``MIN_ROUNDS`` rounds have run.
An entry that ran beside more than ``EXT_CORES_MAX`` external cores is
re-timed once, within the run's re-time budget.

End-to-end figures are sums over entries of per-entry statistics of the
wall time (construct + execute): ``op_ms`` the median and ``op_p75_ms``
the third quartile over the graph entries, ``op2_ms`` the median over the
Python-worker kernel entries.  The relational entry bypasses both layers;
it is the control, reported per entry in the traced run.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from gunbench.datagen import write_tables

SF = 0.01
TINY_SF = 0.001
# a warm round takes 13-17 s on a 4-core host; two give every entry two
# samples, so no figure rests on one execution of an entry
MIN_ROUNDS = 2

GRAPH = [
    "graph_traverse_customer_region",
    "graph_pagerank_transactions",
    "graph_communities_lpa",
    "graph_triangles_coorder",
    "graph_kcore_members",
]
# one Arrow pass over driver-held blocks, then the join + unrolled-dot shape
KERNELS = [
    "sim_topk_cosine",
    "multimodal_decode_mp3_audio",
    "sim_topk_ip_pq",
    "mine_bitext_margin_ivf",
]
RELATIONAL = ["q1_pricing_summary"]


class Catalog:
    def __init__(self, primary: list[str], secondary: list[str], control: list[str]):
        self.primary = primary
        self.secondary = secondary
        self.control = control
        self.entries = primary + secondary + control

    def setup(self, bench):
        sf = TINY_SF if bench.tiny else SF
        sf_dir = bench.path("data", f"sf{sf}")
        write_tables(sf_dir, sf, bench.seed)
        return {"sf_dir": sf_dir}

    def teardown(self, bench, fx) -> None:
        pass  # the next set-up rewrites the same tables

    @staticmethod
    def rotated(entries: list[str], seed: int) -> list[str]:
        k = seed % len(entries)
        return entries[k:] + entries[:k]

    def order(self, seed: int, primary_last: bool) -> list[str]:
        """The roster, each group rotated by the seed.  The graph entries
        still run partly cold after one pass (the planner's JIT: their
        first warm pass read about 9.0 s against 7.0-7.5 s later), so the
        check round runs them first and the timed round last."""
        p, s, c = (self.rotated(g, seed) for g in (self.primary, self.secondary, self.control))
        return s + c + p if primary_last else p + s + c

    def check_round(self, bench, fx) -> None:
        """Collect every entry once and compare with its DuckDB oracle."""
        from esgopeta_spark.plans import REGISTRY
        from gunbench.oracle import catalog_db, digest, oracle_digest

        order = self.order(bench.seed, primary_last=False)
        con = catalog_db(fx["sf_dir"])
        # the oracles run on DuckDB's threads while Spark runs the entries
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(lambda: [oracle_digest(con, REGISTRY[n].oracle) for n in order])
            for i, name in enumerate(order):
                bench.attempted += 1
                t0 = time.perf_counter()
                try:
                    df = REGISTRY[name].fn(bench.spark, fx["sf_dir"])
                    got = digest(df.columns, [tuple(r) for r in df.collect()])
                except Exception as e:  # an entry that fails is a failed op
                    bench.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                bench.log(f"checked {name} in {time.perf_counter() - t0:.2f} s")
                want = oracles.result()[i]
                if bench.args.corrupt and i == 0:
                    want = "0" * len(want)
                bench.check(got == want, f"{name}: spark digest {got[:12]} != oracle {want[:12]}")
        con.close()

    def run(self, bench, fx, seconds: float) -> dict:
        from esgopeta_spark.plans import REGISTRY
        from gunbench.run import median, p75

        self.check_round(bench, fx)
        spark, sf_dir = bench.spark, fx["sf_dir"]
        order = self.order(bench.seed, primary_last=True)
        bench.log("check round done")
        walls: dict[str, list[float]] = {name: [] for name in order}
        t_end = time.perf_counter() + seconds
        rnd = 0
        while rnd < (1 if bench.tiny else MIN_ROUNDS) or (time.perf_counter() < t_end and not bench.tiny):
            for name in order:
                fn = REGISTRY[name].fn

                def op():
                    with bench.span("plans.construct"):
                        df = fn(spark, sf_dir)
                    with bench.span("plans.execute"):
                        df.write.format("noop").mode("overwrite").save()

                bench.attempted += 1
                try:
                    _, wall, _ = bench.timed("entry:" + name, rnd, op)
                    walls[name].append(wall)
                except Exception as e:
                    bench.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
            rnd += 1
        bench.log(f"{rnd} timed rounds done")
        bench.detail.update({e + "_ms": [round(1e3 * w, 1) for w in ws] for e, ws in walls.items()})

        def total(entries, stat) -> float:
            return 1e3 * sum(stat(walls[e]) for e in entries)

        return {
            "op_ms": total(self.primary, median),
            "op_p75_ms": total(self.primary, p75),
            "op2_ms": total(self.secondary, median),
        }

    def layers(self, bench, ops: list[dict]) -> dict:
        from gunbench.run import median

        out = {}
        for name in self.entries:
            mine = [o for o in ops if o["kind"] == "entry:" + name]
            out[f"plans.{name}.construct_ms"] = median([o["incl_ms"].get("plans.construct", 0.0) for o in mine])
            out[f"plans.{name}.execute_ms"] = median([o["incl_ms"].get("plans.execute", 0.0) for o in mine])
        return out


CATALOG = Catalog(GRAPH, KERNELS, RELATIONAL)
