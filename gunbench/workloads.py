"""Workload registry, traced-mode instrumentation and per-layer figures."""

from __future__ import annotations

import importlib

# (module, attribute, span name): public driver-side functions, wrapped at
# every module attribute bound to them
FUNCTIONS = [
    ("esgopeta_spark.session", "read_table", "session.read_table"),
    ("esgopeta_spark.sources.io", "load_manifest", "sources.io.load_manifest"),
    ("esgopeta_spark.sources.io", "publish_manifest", "sources.io.publish_manifest"),
    ("esgopeta_spark.sources.io", "gc_unreferenced_commits", "sources.io.gc_unreferenced_commits"),
    ("esgopeta_spark.sources.io", "read_quads", "sources.io.read_quads"),
    ("esgopeta_spark.sources.io", "write_quads", "sources.io.write_quads"),
    ("esgopeta_spark.streaming.upsert", "ham_upsert_batch", "streaming.upsert.ham_upsert_batch"),
    ("esgopeta_spark.streaming.upsert", "read_pending", "streaming.upsert.read_pending"),
    ("esgopeta_spark.streaming.ham_stream", "streaming_ham_merge", "streaming.ham_stream.streaming_ham_merge"),
    ("esgopeta_spark.ham", "ham_merge", "ham.ham_merge"),
    ("esgopeta_spark.operators.checkpoint", "materialize", "operators.checkpoint.materialize"),
    ("esgopeta_spark.operators.graph_analytics", "pagerank", "operators.graph_analytics.pagerank"),
    ("esgopeta_spark.operators.graph_analytics", "label_propagation", "operators.graph_analytics.label_propagation"),
    ("esgopeta_spark.operators.graph_analytics", "triangle_counts", "operators.graph_analytics.triangle_counts"),
    ("esgopeta_spark.operators.graph_analytics", "kcore_members", "operators.graph_analytics.kcore_members"),
]


def get(name: str):
    from gunbench.catalog import CATALOG
    from gunbench.gunstore import GUN_STORE
    from gunbench.livefetch import LIVE_FETCH

    return {
        "gun_store": GUN_STORE,
        "live_fetch": LIVE_FETCH,
        "catalog": CATALOG,
    }[name]


def instrument(tracer) -> None:
    import esgopeta_spark.plans  # noqa: F401  (load every module that imports by name)
    from esgopeta_spark.graph import GunGraph
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame  # the class sessions build

    for module, attr, name in FUNCTIONS:
        importlib.import_module(module)
        tracer.wrap_function(module, attr, name)
    for attr in ("fetch_one", "soul_of", "traverse", "values_at"):
        tracer.wrap_method(GunGraph, attr, "graph." + attr)
    for attr in ("collect", "toPandas", "count"):
        tracer.wrap_method(DataFrame, attr, "spark." + attr)
    for attr in ("save", "parquet"):
        tracer.wrap_method(DataFrameWriter, attr, "spark." + attr)


GRAPH_LOOPS = ("pagerank", "label_propagation", "triangle_counts", "kcore_members")


def layer_metrics(bench, wl) -> dict:
    """Per-layer figures of a traced run.  A round is one pass of the
    workload's loop (roster pass; put + fetches; one live file); figures
    are medians over rounds.  Layers a workload does not reach read 0."""
    from gunbench.run import median
    from gunbench.trace import SPARK_KEYS

    # warm-up ops (round -1) and dirty attempts that were re-timed are left out
    ops = [o for o in bench.tracer.op_breakdown() if o["round"] >= 0 and not o.get("discarded")]
    rounds: dict[int, list[dict]] = {}
    for o in ops:
        rounds.setdefault(o["round"], []).append(o)

    def per_round(fn) -> float:
        return median([sum(fn(o) for o in rs) for rs in rounds.values()])

    out = {
        "session.read_table_ms": per_round(lambda o: o["incl_ms"].get("session.read_table", 0.0)),
        "operators.checkpoint.materialize_calls": per_round(
            lambda o: o["calls"].get("operators.checkpoint.materialize", 0)
        ),
        "operators.checkpoint.materialize_ms": per_round(
            lambda o: o["incl_ms"].get("operators.checkpoint.materialize", 0.0)
        ),
    }
    for loop in GRAPH_LOOPS:
        name = "operators.graph_analytics." + loop
        out[name + "_ms"] = per_round(lambda o, n=name: o["incl_ms"].get(n, 0.0))
    spark_live = getattr(wl, "engine_window", None)
    for key in SPARK_KEYS:
        if key == "jobs":
            continue
        if spark_live is not None:  # live_fetch: the query's window, per file
            out["spark." + key] = spark_live[key] / max(wl.n_files, 1)
        else:
            out["spark." + key] = per_round(lambda o, k=key: o["spark"][k])
    wall = sum(o["wall_ms"] for o in ops)
    out["trace.overhead_ratio"] = bench.tracer.overhead_s * 1e3 / wall if wall else 0.0
    out["trace.residual_share"] = sum(o["residual_ms"] for o in ops) / wall if wall else 0.0
    out["trace.reconcile_max_err_ms"] = max((o["reconcile_err_ms"] for o in ops), default=0.0)
    out.update(wl.layers(bench, ops))
    return out
