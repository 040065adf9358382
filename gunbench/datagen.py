"""Seeded inputs for every workload.

All inputs derive from ``--seed`` through numpy/random generators, so the
same seed yields byte-identical tables, stores and update streams.

- :func:`write_tables` writes the TPC-H-shaped star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables the catalog entries
  read, with the column names and value domains of the package's
  testdata (uniform keys, the same categorical vocabularies, unit-norm
  64-d embeddings in 10 labelled clusters).
- :class:`GunModel` builds the GUN graph of orders, customers and nations
  and generates HAM update batches against it, while keeping a
  driver-side fold of what the store must hold (the output oracle).
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 UTC in microseconds
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (sf0.01 = 15k orders)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_part = max(int(200_000 * sf), 20)
    n_evt = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 40)
    n_vec = max(int(50_000 * sf), 40)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2498, n_line)) * _DAY_US),
        }
    )
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype="int64"),
            "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_evt))),
            "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.integers(1, 49_000, n_evt) / 100.0, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    lens = rng.integers(8, 100, n_docs)
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in lens]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )
    return out


def write_tables(sf_dir: str, sf: float, seed: int) -> dict[str, pa.Table]:
    """Write every table as ``<sf_dir>/<name>.parquet`` (one file each,
    like the package's testdata) and return them."""
    os.makedirs(sf_dir, exist_ok=True)
    tabs = tables(sf, seed)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(sf_dir, f"{name}.parquet"))
    return tabs


# ---------------------------------------------------------------------------
# GUN graph model
# ---------------------------------------------------------------------------

QUAD_COLS = [
    "soul", "field", "value_type", "value_number_raw", "value_number",
    "value_string", "value_bool", "value_relation", "state",
]

SEED_STATE = 1_600_000_000_000.0  # every seeded quad's state is near this
CLOCK0 = SEED_STATE + 100_000.0  # as-of clock of put round 0
CLOCK_STEP = 1_000.0  # the clock advances this much per put round
LIVE_FUTURE = 4_102_444_800_000.0  # 2100-01-01: live rows this new always defer


def quad(soul: str, field: str, value, state: float) -> dict:
    """One QUAD_SCHEMA row for a Python value (None, bool, number given as
    its JSON literal string via ``("num", raw)``, str, or ``{"#": soul}``)."""
    row = dict.fromkeys(QUAD_COLS)
    row.update(soul=soul, field=field, state=float(state))
    if value is None:
        row["value_type"] = "null"
    elif isinstance(value, bool):
        row.update(value_type="bool", value_bool=value)
    elif isinstance(value, tuple):
        row.update(value_type="number", value_number_raw=value[1], value_number=float(value[1]))
    elif isinstance(value, dict):
        row.update(value_type="relation", value_relation=value["#"])
    else:
        row.update(value_type="string", value_string=value)
    return row


def value_json(row: dict) -> str:
    """The HAM tiebreak key: Go ``json.Marshal`` of the value."""
    vt = row["value_type"]
    if vt == "null":
        return "null"
    if vt == "number":
        return row["value_number_raw"]
    if vt == "string":
        return json.dumps(row["value_string"], ensure_ascii=False, separators=(",", ":"))
    if vt == "bool":
        return "true" if row["value_bool"] else "false"
    return '{"#":' + json.dumps(row["value_relation"], ensure_ascii=False) + "}"


def decoded(row: dict):
    """What ``fetch_one`` must return as ``value`` for a stored row."""
    vt = row["value_type"]
    if vt == "null":
        return None
    if vt == "number":
        return json.loads(row["value_number_raw"])
    if vt == "string":
        return row["value_string"]
    if vt == "bool":
        return row["value_bool"]
    return {"#": row["value_relation"]}


class GunModel:
    """The seeded GUN graph plus a driver-side HAM fold of the store.

    ``fold`` maps (soul, field) to the winning row under the HAM total
    order (state, value_json); ``pending`` is the deferred carry set the
    store must hold.  Both are maintained by :meth:`apply_put` with the
    same eligibility rule as ``ham_upsert_batch`` (state <= as_of)."""

    def __init__(self, tabs: dict[str, pa.Table], seed: int):
        self.rng = random.Random(seed * 7919 + 17)
        self.seed = seed
        self.rows: list[dict] = []
        nat = tabs["nation"].to_pydict()
        reg = tabs["region"].to_pydict()["r_name"]
        for k, rk in zip(nat["n_nationkey"], nat["n_regionkey"]):
            s = f"nation/{k}"
            st = SEED_STATE + k
            self.rows += [quad(s, "name", f"NATION_{k}", st), quad(s, "region", reg[rk], st)]
        cu = tabs["customer"].to_pydict()
        for k, nk, bal, seg in zip(cu["c_custkey"], cu["c_nationkey"], cu["c_acctbal"], cu["c_mktsegment"]):
            s = f"customer/{k}"
            st = SEED_STATE + k % 997
            self.rows += [
                quad(s, "nation", {"#": f"nation/{nk}"}, st),
                quad(s, "acctbal", ("num", f"{bal:.2f}"), st),
                quad(s, "segment", seg, st),
                quad(s, "note", None if k % 4 == 0 else f"vip{k % 7}", st),
            ]
        od = tabs["orders"].to_pydict()
        for k, ck, st_, tp, pr in zip(
            od["o_orderkey"], od["o_custkey"], od["o_orderstatus"], od["o_totalprice"], od["o_orderpriority"]
        ):
            s = f"order/{k}"
            st = SEED_STATE + k % 991
            self.rows += [
                quad(s, "customer", {"#": f"customer/{ck}"}, st),
                quad(s, "total", ("num", f"{tp:.2f}"), st),
                quad(s, "status", st_, st),
                quad(s, "urgent", pr == "1-URGENT", st),
            ]
            if k % 5 == 0:
                self.rows.append(quad(s, "clerk", None, st))  # stored null
        self.n_orders = len(od["o_orderkey"])
        self.n_cust = len(cu["c_custkey"])
        self.fold: dict[tuple[str, str], dict] = {}
        for r in self.rows:
            self._offer(r)
        self.pending: list[dict] = []
        self.eligible: list[dict] = []  # every put row that reached the store
        self.put_round = 0
        self.recent: list[tuple[str, str]] = []  # keys of the latest puts
        self.nulls = [k for k, r in self.fold.items() if r["value_type"] == "null"]
        self._ship = 0

    def _offer(self, r: dict) -> None:
        key = (r["soul"], r["field"])
        cur = self.fold.get(key)
        if cur is None or (r["state"], value_json(r)) > (cur["state"], value_json(cur)):
            self.fold[key] = r

    # -- puts ---------------------------------------------------------------

    def _zipf_order(self) -> int:
        """Order key, Zipf-skewed toward the most recent (highest) keys."""
        rank = int(self.rng.paretovariate(1.1))  # 1, 1, 1, 2, ... heavy tail
        return self.n_orders - 1 - (rank - 1) % self.n_orders

    def _value(self, field: str):
        r = self.rng
        if field == "total":
            return ("num", f"{r.randrange(100_000, 50_000_000) / 100:.2f}")
        if field == "status":
            return r.choice(["F", "O", "P", "X"])
        if field == "urgent":
            return r.random() < 0.5
        return None if r.random() < 0.3 else f"clerk{r.randrange(100)}"

    def make_put(self, n_souls: int) -> tuple[list[dict], float]:
        """One put batch over ``n_souls`` distinct souls and its pinned
        as_of clock.  The mix: newer, stale and equal-state (lexical tie)
        rows on Zipf-skewed souls, future-state rows that defer for one to
        three rounds, and new souls created under lazy-parent relations.
        The soul count is fixed because a put rewrites every bucket its
        souls hash to: a free row count let the put's cost swing with the
        seed."""
        r = self.rng
        clock = CLOCK0 + CLOCK_STEP * self.put_round
        rows: list[dict] = []
        souls: set[str] = set()
        while len(souls) < n_souls:
            soul = f"order/{self._zipf_order()}"
            souls.add(soul)
            kind = r.random()
            if kind < 0.1:  # lazy parents: order -> shipment (new soul) -> fields
                self._ship += 1
                child = f"ship/{self.seed}-{self.put_round}-{self._ship}"
                st = clock - r.randrange(0, 500)
                souls.add(child)
                rows += [
                    quad(soul, f"shipment{self._ship % 3}", {"#": child}, st),
                    quad(child, "carrier", f"carrier{r.randrange(9)}", st),
                    quad(child, "eta", ("num", str(r.randrange(1, 30))), st),
                ]
                continue
            field = r.choice(["total", "status", "urgent", "clerk"])
            cur = self.fold.get((soul, field))
            cur_state = cur["state"] if cur else SEED_STATE
            if kind < 0.55:  # newer
                st = float(r.randrange(int(cur_state) + 1, int(clock) + 1))
            elif kind < 0.7:  # stale
                st = cur_state - r.randrange(1, 1000)
            elif kind < 0.85:  # equal state: the value_json tiebreak decides
                st = cur_state
            else:  # future: deferred until the clock passes it
                st = clock + r.randrange(1, int(3 * CLOCK_STEP))
            rows.append(quad(soul, field, self._value(field), st))
        return rows, clock

    def apply_put(self, rows: list[dict], clock: float) -> tuple[int, int]:
        """Fold one put into the model exactly as ``ham_upsert_batch``
        must: incoming = batch + carried pending; eligible rows merge,
        the rest become the new pending set.  Returns (eligible, deferred)."""
        incoming = rows + self.pending
        elig = [x for x in incoming if x["state"] <= clock]
        self.pending = [x for x in incoming if x["state"] > clock]
        for x in elig:
            self._offer(x)
        self.eligible += elig
        self.recent = [(x["soul"], x["field"]) for x in elig][-32:] or self.recent
        self.put_round += 1
        return len(elig), len(self.pending)

    # -- fetches ------------------------------------------------------------

    def fetch_keys(self, n: int) -> list[tuple[str, str]]:
        """Point-read keys: hot (just put), cold (untouched souls), stored
        null, and absent (unknown field or unknown soul), in a seeded mix."""
        r = self.rng
        keys = []
        for i in range(n):
            kind = i % 8
            if kind in (0, 1, 2) and self.recent:
                keys.append(r.choice(self.recent))
            elif kind in (3, 4):
                keys.append((f"customer/{r.randrange(self.n_cust)}", r.choice(["acctbal", "segment", "nation"])))
            elif kind == 5:
                keys.append(r.choice(self.nulls))
            elif kind == 6:
                keys.append((f"order/{r.randrange(self.n_orders)}", "missing_field"))
            else:
                keys.append((f"order/{self.n_orders + r.randrange(1000)}", "total"))
        return keys

    def expected(self, key: tuple[str, str]) -> tuple[bool, object, float | None]:
        row = self.fold.get(key)
        if row is None:
            return (False, None, None)
        return (True, decoded(row), row["state"])

    def user_bytes(self) -> int:
        """Σ len(soul)+len(field)+len(value_json)+8 over the live snapshot."""
        return sum(
            len(r["soul"].encode()) + len(r["field"].encode()) + len(value_json(r).encode()) + 8
            for r in self.fold.values()
        )

    # -- live stream --------------------------------------------------------

    def live_file(self, idx: int, n_rows: int) -> list[dict]:
        """One update file for the live query: the put mix on Zipf-skewed
        souls, with states unique to the file.  Future rows are dated 2100,
        so they stay deferred for the whole run whatever the wall clock."""
        r = self.rng
        base = SEED_STATE + 10_000.0 * (idx + 1)
        rows = []
        for j in range(n_rows):
            kind = r.random()
            soul = f"order/{self._zipf_order()}"
            field = r.choice(["total", "status", "urgent", "clerk"])
            if kind < 0.6:
                st = base + j
            elif kind < 0.8:
                st = base - 10_000.0 * r.randrange(1, 4) + j  # stale vs earlier files
            elif kind < 0.9:
                st = base + r.randrange(0, 4)  # likely ties within the file
            else:
                st = LIVE_FUTURE + j  # deferred
            rows.append(quad(soul, field, self._value(field), st))
        return rows
