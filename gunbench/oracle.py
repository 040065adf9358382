"""Output checks: DuckDB oracles and row canonicalisation.

``canon``/``frame_to_rows`` are the catalog's value-hash compare of
tests/test_oracle_parity.py, imported from there: full-precision floats,
naive ISO timestamps, column-name-sorted columns, order-insensitive rows.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pyarrow as pa

from gunbench.datagen import QUAD_COLS, value_json

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from test_oracle_parity import canon, frame_to_rows  # noqa: E402,F401

CATALOG_TABLES = [
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def digest(cols, rows) -> str:
    c, r = frame_to_rows(list(cols), rows)
    return hashlib.sha256(repr((c, r)).encode()).hexdigest()


def catalog_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # one thread: the oracles run beside Spark's check round
    con = duckdb.connect(config={"threads": 1})
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def oracle_digest(con, sql: str) -> str:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())


QUAD_ARROW = pa.schema(
    [
        ("soul", pa.string()), ("field", pa.string()), ("value_type", pa.string()),
        ("value_number_raw", pa.string()), ("value_number", pa.float64()),
        ("value_string", pa.string()), ("value_bool", pa.bool_()),
        ("value_relation", pa.string()), ("state", pa.float64()),
    ]
)


def quads_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=QUAD_ARROW)


def ham_fold_rows(rows: list[dict]) -> list[tuple]:
    """Winner per (soul, field) under the HAM order, folded by DuckDB:
    ROW_NUMBER over (state DESC, value_json DESC)."""
    tab = quads_table(rows).append_column(
        "value_json", pa.array([value_json(r) for r in rows], pa.string())
    )
    con = duckdb.connect()
    con.register("upd", tab)
    cols = ", ".join(QUAD_COLS)
    return con.execute(
        f"""SELECT {cols} FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY soul, field
                                           ORDER BY state DESC, value_json DESC) AS rn
              FROM upd) WHERE rn = 1"""
    ).fetchall()
