"""Defects the benchmark found in the package.

Each test states the correct behaviour and is a strict xfail while the
defect stands: once the package is fixed the test passes and the xfail
turns into a failure.  Then drop the marker, and list the workload the
defect holds back (``live_fetch``) in BENCHMARK.json again.

    python3 -m pytest gunbench/tests/test_known_defects.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.mark.xfail(
    strict=True,
    reason="streaming_ham_merge keeps a winner-less state for a key whose first "
    "rows were all deferred; the next update of that key compares float with None",
)
def test_update_after_deferred_only_first_batch(tmp_path):
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "1")
    from esgopeta_spark.session import get_spark
    from esgopeta_spark.streaming.ham_stream import streaming_ham_merge
    from esgopeta_spark.types import QUAD_SCHEMA
    import pyarrow.parquet as pq

    from gunbench.datagen import LIVE_FUTURE, SEED_STATE, quad
    from gunbench.oracle import quads_table

    spark = get_spark("gunbench-defects")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(quads_table([quad("s", "f", "later", LIVE_FUTURE)]), src / "part-0.parquet")
    pq.write_table(quads_table([quad("s", "f", "now", SEED_STATE)]), src / "part-1.parquet")
    got = []
    query = (
        streaming_ham_merge(
            spark.readStream.schema(QUAD_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        .writeStream.foreachBatch(lambda df, _: got.extend(r["value_string"] for r in df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination(120)
    finally:
        query.stop()
    assert query.exception() is None
    assert got == ["now"]
