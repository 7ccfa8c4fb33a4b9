"""Seeded inputs for the steady-state benchmark.

Everything the engine reads is made here from ``--seed``: the ten corpus
tables (schemas as in FIXTURES.md, sizes in ``TABLE_ROWS``) for the
``query`` workload, and the staged batch files for ``ingest``. The same
seed gives byte-identical files; ``digest_dir`` hashes them for the
condition stamp.

Timestamps are written as ``timestamp[us]`` (what the current corpus
stores; FIXTURES.md also documents the older ms/ns generations, which
the engine's loaders normalise to the same values).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = pa.timestamp("us")

# Column names and types from FIXTURES.md.
SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", TS),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", TS),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", TS),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
}

# sf0.002-shaped: twice the sf0.001 fixture, so a steady B1-B10 pass is
# ~2.5 s on 2 slots and the warm-up fits the run budget (README.md).
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3_000,
    "lineitem": 12_000,
    "events": 2_000,
    "documents": 500,
    "embeddings": 500,
}

# ingest: one pass replays ARRIVALS staged files of ROWS_PER_ARRIVAL rows.
ARRIVALS = 4
ROWS_PER_ARRIVAL = 500
UPDATE_SHARE = 0.25  # rows of arrival i>0 that re-send an earlier key, newer ts
REDELIVER = {2: 0, 3: 1}  # arrival -> earlier arrival whose file lands again

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
ADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]

_DAY_US = 86_400_000_000


def _us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _events(rng: np.random.Generator, ids: np.ndarray, ts_us: np.ndarray, users: int) -> dict:
    n = len(ids)
    return {
        "event_id": ids.astype(np.int64),
        "ts": pa.array(ts_us, TS),
        "user_id": rng.integers(0, users, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _tables(seed: int) -> dict[str, dict]:
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    c = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    }
    s = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }
    p = n["part"]
    t["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, p), _pick(rng, NOUN, p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    }
    o = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(_us(1995, 1, 1) + rng.integers(0, 2404, o) * _DAY_US, TS),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    }
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(_us(1995, 1, 2) + rng.integers(0, 2498, li) * _DAY_US, TS),
    }
    e = n["events"]
    ts = np.sort(_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, e))
    t["events"] = _events(rng, np.arange(e), ts, users=max(15, e // 65))
    d = n["documents"]
    texts = [" ".join(_pick(rng, VOCAB, int(k))) for k in rng.integers(10, 100, d)]
    for i in rng.choice(np.arange(1, d), d // 50, replace=False):  # 2% exact dups
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=[0.44, 0.14, 0.14, 0.13, 0.15]),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0.0, 1.0, (10, 64))
    x = centers[labels] + rng.normal(0.0, 0.8, (v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    return t


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path, compression="snappy")


def make_tables(out_dir: str, seed: int) -> None:
    """Write the ten corpus tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in _tables(seed).items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols, SCHEMAS[name])


def make_ingest(out_dir: str, seed: int) -> list[str]:
    """Write one pass's staged files, ``batch_<i>.parquet`` for each arrival.

    Arrival 0 carries fresh keys only; later arrivals carry
    ``UPDATE_SHARE`` rows that re-send an already-staged key with a newer
    ``ts`` (the upsert must keep the newest). Returns the file paths in
    arrival order; ``REDELIVER`` says which arrivals land an earlier file
    a second time.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed ^ 0x1A6E57)
    n = ROWS_PER_ARRIVAL
    base = _us(2024, 2, 1)
    paths, next_id = [], 0
    for i in range(ARRIVALS):
        n_upd = int(n * UPDATE_SHARE) if i else 0
        upd = rng.choice(next_id, n_upd, replace=False) if n_upd else np.empty(0, np.int64)
        ids = np.concatenate([upd, np.arange(next_id, next_id + n - n_upd)])
        next_id += n - n_upd
        # arrival i's rows sit in day i, so a re-sent key is always newer
        ts = base + i * _DAY_US + np.sort(rng.integers(0, _DAY_US, n))
        path = os.path.join(out_dir, f"batch_{i:03d}.parquet")
        _write(path, _events(rng, ids, ts, users=50), SCHEMAS["events"])
        paths.append(path)
    return paths


def digest_dir(path: str) -> tuple[int, str]:
    """(total bytes, sha256 over sorted file names and contents)."""
    h, total = hashlib.sha256(), 0
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                data = fh.read()
            h.update(os.path.relpath(full, path).encode() + b"\0" + data)
            total += len(data)
    return total, h.hexdigest()


def schema_drift(out_dir: str) -> list[str]:
    """Tables whose written schema differs from ``SCHEMAS``."""
    return [
        name
        for name, schema in SCHEMAS.items()
        if not pq.read_schema(os.path.join(out_dir, f"{name}.parquet")).equals(
            schema, check_metadata=False
        )
    ]
